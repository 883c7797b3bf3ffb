"""The traced superstep: the program's own ``CrawlRunner.run_round`` with
every layer call forced inside a span.

``instrumented(runner, stages)`` replaces, while its block runs, the layer
functions ``plans.crawl_plan`` calls by name, ``bloom.build_bloom`` and the
runner's ``_commit`` with wrappers that call the original and materialize
and count its result inside a span (``tracer.Stages.force``). ``run_round``
itself is not touched: its glue code (the control join, the fold-derived
marks, the per-request metrics, the state update) runs as in any round, and
calls the layers in its own order.

Differences from an untraced round, all part of the tracing overhead: every
layer result is materialized (a local checkpoint) and counted, so later
layers plan over it rather than over its lineage; the round's thread pools run their jobs
one after another on the calling thread, with the frontier-job overlap and
the asynchronous chunk sink switched off (``SPARK_GRAFT_OVERLAP_FRONTIER=0``,
``SPARK_GRAFT_ASYNC_CHUNKS=0``), so spans nest on one thread; and the
ratio probes (admitted, robots-allowed and ok rows, the canonicalized links,
the bloom's verdicts) run extra jobs inside ``trace.probe`` and
``url.canonicalize`` spans.
"""

from __future__ import annotations

import concurrent.futures
import os
from contextlib import ExitStack, contextmanager
from unittest import mock

from pyspark.sql import functions as F

from my_crawler_spark.functions.url import canonicalize_url
from my_crawler_spark.operators import bloom as bloom_mod
from my_crawler_spark.plans import crawl_plan

from tracer import Stages

#: crawl_plan name -> span name of the layer call it makes
LAYERS = {
    "admit_prefix": "politeness.admit_prefix",
    "robots_gate": "politeness.robots_gate",
    "fetch_join": "fetch.fetch_join",
    "extract_pages": "extract.extract_pages",
    "gate_fold": "frontier.gate_fold",
    "explode_chunks": "extract.explode_chunks",
    "admit_links": "frontier.admit_links",
    "assign_seqs": "frontier.assign_seqs",
}
SERIAL_ENV = {"SPARK_GRAFT_OVERLAP_FRONTIER": "0", "SPARK_GRAFT_ASYNC_CHUNKS": "0"}


class SerialExecutor:
    """A ThreadPoolExecutor stand-in that runs each job when it is submitted."""

    def __init__(self, *args, **kwargs):
        pass

    def submit(self, fn, *args, **kwargs):
        fut = concurrent.futures.Future()
        try:
            fut.set_result(fn(*args, **kwargs))
        except BaseException as e:  # handed to the caller by fut.result()
            fut.set_exception(e)
        return fut

    def shutdown(self, wait=True, **kwargs):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _count(stages: Stages, df, cond) -> int:
    with stages.span("trace.probe"):
        return df.filter(cond).count()


def _layer_wrappers(stages: Stages, facts: dict) -> dict:
    """crawl_plan name -> wrapper that forces the original's result and
    records the round's row counts in ``facts``."""
    orig = {name: getattr(crawl_plan, name) for name in LAYERS}

    def call(name, *args, **kwargs):
        return stages.force(LAYERS[name], lambda: orig[name](*args, **kwargs))

    w = {name: (lambda *a, _n=name, **kw: call(_n, *a, **kw)) for name in LAYERS}

    def admit_prefix(*args, **kwargs):
        out = call("admit_prefix", *args, **kwargs)
        facts["frontier_rows"] = stages.rows
        facts["admitted"] = _count(stages, out, F.col("admitted"))
        return out

    def robots_gate(*args, **kwargs):
        out = call("robots_gate", *args, **kwargs)
        facts["robots_checked"] = stages.rows
        facts["robots_allowed"] = _count(stages, out, F.col("robots_allowed_flag"))
        return out

    def fetch_join(*args, **kwargs):
        out = call("fetch_join", *args, **kwargs)
        facts["fetched"] = stages.rows
        facts["fetch_ok"] = _count(stages, out, F.col("fetch_kind") == "ok")
        facts["redirect_hops"] = int(kwargs.get("max_hops", 0))
        return out

    def explode_chunks(*args, **kwargs):
        out = call("explode_chunks", *args, **kwargs)
        facts["chunks"] = stages.rows
        return out

    def admit_links(link_parents, fold_out, deferred, seen, requests, spark, bloom=None,
                    **kwargs):
        links = stages.force("url.canonicalize", link_parents.select(
            "request_id", F.explode("outlinks").alias("href")
        ).select("request_id", canonicalize_url(F.col("href")).alias("url")))
        facts["links_in"] = stages.rows
        if bloom is not None:
            facts.update(_bloom_verdicts(stages, spark, links, seen, bloom))
        out = call("admit_links", link_parents, fold_out, deferred, seen, requests, spark,
                   bloom, **kwargs)
        facts["links_admitted"] = stages.rows
        return out

    w.update(admit_prefix=admit_prefix, robots_gate=robots_gate, fetch_join=fetch_join,
             explode_chunks=explode_chunks, admit_links=admit_links)
    return w


def _bloom_verdicts(stages: Stages, spark, links, seen, bloom) -> dict:
    """The bloom's maybe-seen and false-positive counts over the round's
    canonical links, against the round-start seen set."""
    with stages.span("trace.probe"):
        probed = bloom_mod.bloom_maybe_seen(
            spark, links.filter(F.col("url").isNotNull()), "url", bloom, "maybe")
        row = probed.join(
            seen.withColumn("hit", F.lit(True)), ["request_id", "url"], "left"
        ).agg(
            F.count("*"), F.sum(F.col("maybe").cast("long")),
            F.sum((F.col("maybe") & F.col("hit").isNull()).cast("long")),
            F.sum(F.col("hit").isNull().cast("long")),
        ).collect()[0]
    return {"bloom_probed": int(row[0]), "bloom_maybe": int(row[1] or 0),
            "bloom_false_pos": int(row[2] or 0), "bloom_negatives": int(row[3] or 0)}


@contextmanager
def instrumented(runner, stages: Stages):
    """Run ``runner``'s rounds inside this block with every layer call
    forced in a span; yields the dict the round's row counts land in."""
    facts: dict = {}
    build_bloom = bloom_mod.build_bloom
    upsert = crawl_plan.upsert_chunks_with_stale_delete
    commit = runner._commit

    def traced_build_bloom(df, key_col, expected_n=None, **kwargs):
        with stages.span("bloom.build", keys=expected_n):
            return build_bloom(df, key_col, expected_n=expected_n, **kwargs)

    def traced_upsert(table, chunks):
        with stages.span("lake.upsert_chunks"):
            return upsert(table, chunks)

    def traced_commit(round_no, name, table, df, mode="append"):
        with stages.span(f"lake.commit.{name}") as a:
            commit(round_no, name, table, df, mode=mode)
            a["rows"] = table.last_rows

    with ExitStack() as stack:
        for name, fn in _layer_wrappers(stages, facts).items():
            stack.enter_context(mock.patch.object(crawl_plan, name, fn))
        stack.enter_context(mock.patch.object(bloom_mod, "build_bloom", traced_build_bloom))
        stack.enter_context(mock.patch.object(
            crawl_plan, "upsert_chunks_with_stale_delete", traced_upsert))
        stack.enter_context(mock.patch.object(runner, "_commit", traced_commit))
        stack.enter_context(mock.patch.object(
            concurrent.futures, "ThreadPoolExecutor", SerialExecutor))
        stack.enter_context(mock.patch.dict(os.environ, SERIAL_ENV))
        try:
            yield facts
        finally:
            stages.release()
