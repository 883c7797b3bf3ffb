"""my_crawler_spark — a PySpark-native rebuild of DjakeDjone/my_crawler.

A from-scratch, Spark-first analytics engine with the query and
data-processing capabilities of the reference crawler + search stack
(reference studied read-only at /root/reference; see SURVEY.md).

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, bloom joins).
- ``functions``  : scalar column-expression kernels (URL, text, hashes,
                   vectors) — all JVM-side exprs or Arrow-batched pandas UDFs;
                   **no per-row Python UDFs anywhere** (north_rule).
- ``sources``    : lake table layer (snapshot commits / merge / time travel,
                   Iceberg-compatible API with a parquet fallback), readers.
- ``operators``  : the dataflow operators — frontier/BSP crawl scheduler,
                   politeness, fetch-join, extraction, a standalone bloom,
                   search relational ops, dedup suite, similarity search,
                   text stats, multimodal plumbing.
- ``plans``      : multi-round drivers (CrawlRunner) with checkpoint/resume.
- ``oracle``     : pure-Python sequential simulator of the reference's exact
                   crawl semantics (spider/src/crawl_loop.rs:106-256) used as
                   the ordering/seen-set test oracle.
"""

__version__ = "0.1.0"
