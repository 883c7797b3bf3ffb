"""search_serve inputs: a chunks table written by the crawl's write path.

Generation 1 extracts every page of a bulk web (``extract_pages`` ->
``explode_chunks`` -> ``upsert_chunks_with_stale_delete``, the calls the
crawl's chunk sink makes). Generation 2 re-fetches every
``restale_every``-th page with changed content, so the table carries one
merge-on-read generation of stale-version deletes that every read applies.
"""

from __future__ import annotations

import pandas as pd

from my_crawler_spark.fixtures import make_images
from my_crawler_spark.operators.extract import explode_chunks, extract_pages
from my_crawler_spark.plans.crawl_plan import CHUNKS_SCHEMA
from my_crawler_spark.sources.lake import Catalog, upsert_chunks_with_stale_delete

from crawl import chunks_per_caption
from tracer import Stages
from webgen import bulk_web, search_queries

SEARCH = {
    "n_orders": 600, "n_hosts": 16, "n_requests": 8, "n_images": 64,
    "restale_every": 5, "n_queries": 64, "n_ranked_hosts": 12,
}


def search_inputs(seed: int, size: dict = SEARCH) -> dict:
    web = bulk_web(seed, size["n_orders"], size["n_hosts"], size["n_requests"],
                   size["n_images"])
    images = make_images(seed, size["n_images"], 16, 16)
    fetched = pd.DataFrame({
        "request_id": web.grp + 1,
        "seq": range(1, len(web) + 1),
        "final_url": web.url,
        "image_id": web.image_id,
    })
    n_img = size["n_images"]
    restale = fetched.iloc[:: size["restale_every"]].copy()
    restale["image_id"] = [
        f"img-{(int(i[4:]) + 1) % n_img:08d}" for i in restale.image_id
    ]
    ranks = pd.DataFrame({
        "rank": [k * k + 1 for k in range(size["n_ranked_hosts"])],
        "domain": [f"h{k}.example.com" for k in range(size["n_ranked_hosts"])],
    })
    return {
        "gen1": fetched, "gen2": restale, "images": images, "ranks": ranks,
        "queries": search_queries(seed, images.caption.tolist(), size["n_queries"]),
    }


def write_generation(spark, table, fetched: pd.DataFrame, images, stages: Stages) -> None:
    """One crawl-path chunk write: extract, explode + embed, upsert."""
    pages = stages.force(
        "extract.extract_pages", extract_pages(spark.createDataFrame(fetched), images)
    )
    chunks = stages.force("extract.explode_chunks", explode_chunks(pages)).select(
        *[f.name for f in CHUNKS_SCHEMA]
    )
    with stages.span("lake.upsert_chunks"):
        upsert_chunks_with_stale_delete(table, chunks)


def build_chunks_table(spark, workdir: str, inp: dict, stages: Stages | None = None):
    stages = stages or Stages()
    table = Catalog(spark, workdir).table("chunks", CHUNKS_SCHEMA)
    images = spark.createDataFrame(inp["images"])
    write_generation(spark, table, inp["gen1"], images, stages)
    write_generation(spark, table, inp["gen2"], images, stages)
    stages.release()
    return table


def expected_chunk_rows(inp: dict) -> int:
    """Rows after both generations: a re-fetched page's rows are replaced
    only when its new version has chunks (the delete keys are the urls of
    the new batch)."""
    n = {i: chunks_per_caption(c) for i, c in zip(inp["images"].image_id,
                                                   inp["images"].caption)}
    new = dict(zip(inp["gen2"].final_url, inp["gen2"].image_id))
    total = 0
    for url, img in zip(inp["gen1"].final_url, inp["gen1"].image_id):
        fresh = n[new[url]] if url in new else 0
        total += fresh if fresh else n[img]
    return total
