"""Round-6 measurement sidecar (bench.py is FROZEN — see driver contract).

Per spark_optimization_guide.md §1: time each declared query with BOTH the
frozen methodology (`.count()`, what the driver times) and the noop sink
(computes every column — isolates the computation from count()'s column
pruning), and dump `.explain("formatted")` for plan-shape auditing.

Usage:
  python bench_extra.py                    # all bench queries, counts only
  python bench_extra.py --noop             # add noop-sink timing
  python bench_extra.py --plans plans/r06 --suffix before   # dump explains
  python bench_extra.py --queries bm25_topk,semdedup        # subset
  python bench_extra.py --crawl            # one timed crawl run
  python bench_extra.py --repeat 3         # repeat timings
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "bm25_topk", "ann_cosine_topk", "minhash_lsh_pairs", "simhash_pairs",
    "url_canonicalize", "bfs_frontier", "image_decode_phash",
    "image_near_dup", "dedup_diversify_paginate", "events_sessionize",
    "dedup_clusters", "corpus_curation", "caption_alignment",
    "perplexity_bucket", "scrub_spans", "semdedup",
    "hard_negatives", "aspect_buckets", "perplexity_bigram",
    "quality_classifier", "recrawl_schedule", "dedup_paragraphs",
    "inverted_postings", "dsir_select", "postings_refresh",
    "tpch_q5", "warc_roundtrip", "ivfpq_topk", "sitemap_bulk",
    "cdx_index", "exif_stats",
]


def main() -> None:
    args = sys.argv[1:]

    def opt(name, default=None):
        if name in args:
            i = args.index(name)
            return args[i + 1]
        return default

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from my_crawler_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    if "--crawl" in args:
        import bench as B

        t0 = time.time()
        secs, n = B.bench_crawl(spark, SF_DIR)
        print(json.dumps({
            "crawl_seconds": round(secs, 3), "urls": n,
            "urls_per_sec": round(n / secs, 2),
            "wall": round(time.time() - t0, 1),
        }))
        spark.stop()
        return

    from my_crawler_spark import entry_queries as EQ

    names = (opt("--queries") or ",".join(BENCH_QUERIES)).split(",")
    plans_dir = opt("--plans")
    suffix = opt("--suffix", "before")
    repeat = int(opt("--repeat", "1"))
    do_noop = "--noop" in args
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        df = EQ.QUERIES[name](spark, SF_DIR)
        rec: dict = {}
        if plans_dir:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
        counts = []
        for _ in range(repeat):
            t0 = time.time()
            n = EQ.QUERIES[name](spark, SF_DIR).count()
            counts.append(round(time.time() - t0, 3))
        rec["count_s"] = counts
        rec["rows"] = n
        if do_noop:
            noops = []
            for _ in range(repeat):
                t0 = time.time()
                EQ.QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                noops.append(round(time.time() - t0, 3))
            rec["noop_s"] = noops
        out[name] = rec
        print(f"{name}: {rec}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
